"""Per-span Spark metrics from Spark's own event log.

The traced run enables the event log (uncompressed) under the run's scratch
directory and labels every span with the job description
``perfbench:<span id>:<span name>``. After the session stops, this module
reads the log and attributes each job, stage and task to a span: by the
description first, and by the job's submission time when a job carries no
label (jobs Spark submits from its own threads).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

_PY_TIME = "time to run Python workers"  # ms, per task
_PY_SENT = "data sent to Python workers"  # bytes, per task


def read_events(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and "appstatus" not in os.path.basename(f)]

    def part_no(f: str) -> tuple:
        # rolling logs are events_<n>_<app id>; keep their order
        b = os.path.basename(f).split("_")
        return (int(b[1]) if len(b) > 1 and b[1].isdigit() else 0, f)

    events = []
    for f in sorted(files, key=part_no):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _span_of_desc(desc: str | None) -> int | None:
    if desc and desc.startswith("perfbench:"):
        return int(desc.split(":", 2)[1])
    return None


def _innermost(spans: list[dict], t: float) -> int | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= spans[best]["start"]):
            best = s["id"]
    return best


def attribute(events: list[dict], spans: list[dict]) -> dict[int, dict]:
    """Spark work per span id (the span's own jobs, not its children's)."""
    job_span: dict[int, int | None] = {}
    stage_span: dict[int, int | None] = {}
    out = {s["id"]: {"jobs": [], "stages": {}, "tasks": []} for s in spans}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            sid = _span_of_desc(e.get("Properties", {}).get("spark.job.description"))
            if sid is None:
                sid = _innermost(spans, e["Submission Time"] / 1000.0)
            job_span[e["Job ID"]] = sid
            for st in e["Stage IDs"]:
                stage_span.setdefault(st, sid)
            if sid is not None:
                out[sid]["jobs"].append({"id": e["Job ID"], "start": e["Submission Time"] / 1000.0})
        elif kind == "SparkListenerJobEnd":
            sid = job_span.get(e["Job ID"])
            if sid is not None:
                for j in out[sid]["jobs"]:
                    if j["id"] == e["Job ID"]:
                        j["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            sid = _span_of_desc(e.get("Properties", {}).get("spark.job.description"))
            if sid is not None:
                stage_span[e["Stage Info"]["Stage ID"]] = sid
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            if sid is not None and "Submission Time" in info:
                out[sid]["stages"][(info["Stage ID"], info["Stage Attempt ID"])] = (
                    info.get("Completion Time", info["Submission Time"]) - info["Submission Time"]
                ) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(e["Stage ID"])
            if sid is None or "Task Metrics" not in e or e["Task Metrics"] is None:
                continue
            m, info = e["Task Metrics"], e["Task Info"]
            acc = {a["Name"]: a.get("Update") for a in info.get("Accumulables", [])}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            out[sid]["tasks"].append({
                "stage": (e["Stage ID"], e.get("Stage Attempt ID", 0)),
                "dur": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                "run": m["Executor Run Time"] / 1000.0,
                "cpu": m["Executor CPU Time"] / 1e9,
                "gc": m["JVM GC Time"] / 1000.0,
                "spill": m["Disk Bytes Spilled"],
                "peak": m["Peak Execution Memory"],
                "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "sw": sw.get("Shuffle Bytes Written", 0),
                "py_ms": float(acc.get(_PY_TIME) or 0),
                "py_sent": float(acc.get(_PY_SENT) or 0),
            })
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def summarize(per_span: dict[int, dict], span_ids: list[int], wall: tuple[float, float]) -> dict:
    """Spark metrics summed over span_ids (a root span and its children),
    with the driver gap taken against the wall interval."""
    jobs = [j for s in span_ids for j in per_span[s]["jobs"]]
    tasks = [t for s in span_ids for t in per_span[s]["tasks"]]
    stages = {k: v for s in span_ids for k, v in per_span[s]["stages"].items()}
    covered = _union([(max(j["start"], wall[0]), min(j.get("end", wall[1]), wall[1])) for j in jobs])
    straggler = 1.0
    if stages:
        longest = max(stages, key=stages.get)
        durs = [t["dur"] for t in tasks if t["stage"] == longest]
        med = statistics.median(durs) if durs else 0.0
        straggler = max(durs) / med if med > 0 else 1.0
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t["run"] for t in tasks),
        "spark.executor_cpu_s": sum(t["cpu"] for t in tasks),
        "spark.gc_s": sum(t["gc"] for t in tasks),
        "spark.shuffle_read_mb": sum(t["sr"] for t in tasks) / mb,
        "spark.shuffle_write_mb": sum(t["sw"] for t in tasks) / mb,
        "spark.spill_mb": sum(t["spill"] for t in tasks) / mb,
        "spark.peak_exec_mem_mb": max((t["peak"] for t in tasks), default=0) / mb,
        "spark.python_worker_s": sum(t["py_ms"] for t in tasks) / 1000.0,
        "spark.python_sent_mb": sum(t["py_sent"] for t in tasks) / mb,
        "spark.driver_gap_s": max(0.0, (wall[1] - wall[0]) - covered),
        "spark.straggler_ratio": straggler,
    }
