"""Per-task metrics from Spark's own status store.

``label(sc, tag)`` tags every Spark job started inside the block; the
readers then return what Spark itself recorded for those jobs:

- ``jobs(sc, tag)``: each job's stage ids and its submission and
  completion times;
- ``tasks(sc, jobs)``: one row per task attempt of those jobs (stage and
  attempt, partition, executor run, CPU and GC time, records read and
  written, shuffle bytes, spill);
- ``python_worker_s(spark, jobs)``: the SQL metric ``time to run Python
  workers`` summed over the SQL executions that ran those jobs.

The numbers come from the live status store (``AppStatusStore`` and the
SQL ``SQLAppStatusStore``), through Py4J: no UI, REST API or event log is
needed, and no row of the labelled work passes through Python. Objects are
read as JSON written by Jackson's Scala module, one Py4J call per list.

Tags nest: a job started inside an inner label carries the outer tag too.
The live store keeps only ``spark.ui.retainedJobs``/``retainedStages``/
``retainedTasks`` entries, so read a label soon after its jobs ran.
"""

from __future__ import annotations

import json
from contextlib import contextmanager

_MAX_TASKS = 1 << 20
_EXEC_PAGE = 16
_PY_TIME = "time to run Python workers"
_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}


@contextmanager
def label(sc, tag: str):
    """Tag the Spark jobs this thread starts inside the block with `tag`."""
    sc.addJobTag(tag)
    try:
        yield tag
    finally:
        sc.removeJobTag(tag)


def _json(sc, obj):
    scala = getattr(sc._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
    return json.loads(mapper.registerModule(getattr(scala, "MODULE$")).writeValueAsString(obj))


def jobs(sc, tag: str) -> list[dict]:
    """The jobs that ran under `tag`, oldest first: job id, stage ids and
    the [start, end] wall interval in epoch seconds."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    store = jsc.statusStore()
    out = []
    for j in sorted(jsc.statusTracker().getJobIdsForTag(tag)):
        d = _json(sc, store.job(j))
        out.append({
            "job_id": j,
            "stage_ids": d["stageIds"],
            "start": d["submissionTime"] / 1e3,
            "end": (d.get("completionTime") or d["submissionTime"]) / 1e3,
        })
    return out


def tasks(sc, job_list: list[dict]) -> list[dict]:
    """One row per task attempt that ran inside `job_list`'s jobs.

    A job lists the stages it reused from an earlier job as well (AQE
    reports them skipped, with no task of this job); a task counts only if
    it launched while one of the jobs ran, so a reused stage's tasks stay
    with the job that ran them. Retried stages are read attempt by
    attempt."""
    jsc = sc._jsc.sc()
    store, tracker = jsc.statusStore(), jsc.statusTracker()
    seen: dict[int, dict] = {}
    for job in job_list:
        for s in job["stage_ids"]:
            info = tracker.getStageInfo(s)
            last = info.get().currentAttemptId() if info.isDefined() else 0
            for a in range(last + 1):
                for t in _json(sc, store.taskList(s, a, _MAX_TASKS)):
                    launch = t["launchTime"] / 1e3
                    if job["start"] <= launch <= job["end"] and t["taskId"] not in seen:
                        seen[t["taskId"]] = _task_row(job["job_id"], s, a, t, launch)
    return sorted(seen.values(), key=lambda r: r["task_id"])


def _task_row(job_id: int, stage_id: int, attempt: int, t: dict, launch: float) -> dict:
    m = t.get("taskMetrics") or {}
    sr = m.get("shuffleReadMetrics") or {}
    return {
        "job_id": job_id,
        "stage_id": stage_id,
        "attempt": attempt,
        "task_id": t["taskId"],
        "partition_id": t["partitionId"],
        "status": t["status"],
        "host": t["host"],
        "launch": launch,
        "end": launch + (t.get("duration") or 0) / 1e3,
        "run_s": m.get("executorRunTime", 0) / 1e3,
        "cpu_s": m.get("executorCpuTime", 0) / 1e9,
        "gc_s": m.get("jvmGcTime", 0) / 1e3,
        "records_read": (m.get("inputMetrics") or {}).get("recordsRead", 0),
        "records_written": (m.get("outputMetrics") or {}).get("recordsWritten", 0),
        "bytes_written": (m.get("outputMetrics") or {}).get("bytesWritten", 0),
        "shuffle_read_bytes": sr.get("localBytesRead", 0) + sr.get("remoteBytesRead", 0),
        "shuffle_write_bytes": (m.get("shuffleWriteMetrics") or {}).get("bytesWritten", 0),
        "spill_bytes": m.get("diskBytesSpilled", 0),
    }


def _metric_ms(text: str | None) -> float:
    """Total of a formatted SQL timing metric: "12 ms", or
    "total (min, med, max (stageId: taskId))\\n5.0 s (...)"."""
    if not text:
        return 0.0
    value, unit = text.rsplit("\n", 1)[-1].split(" (", 1)[0].split()
    return float(value) * _MS[unit]


def python_worker_s(spark, job_list: list[dict]) -> float:
    """Seconds of `time to run Python workers` in the SQL executions that
    ran `job_list`'s jobs. Executions are paged newest first and the walk
    stops at a page that ended before the first job started.

    The metric nests: within one stage, each Python node's time includes
    that of the Python nodes upstream of it, which it waits on for its
    input. A chain of k equally costly nodes in one stage therefore sums
    to about k(k+1)/2 times their own work, and can exceed the tasks' run
    time."""
    if not job_list:
        return 0.0
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    want = {str(j["job_id"]) for j in job_list}
    first_ms = min(j["start"] for j in job_list) * 1e3
    total, seen = 0.0, set()
    hi = int(store.executionsCount())
    while hi > 0:
        lo = max(0, hi - _EXEC_PAGE)
        execs = _json(sc, store.executionsList(lo, hi - lo))
        for e in execs:
            acc = {m["accumulatorId"] for m in e["metrics"] if m["name"] == _PY_TIME} - seen
            if acc and not want.isdisjoint(e["jobs"]):
                values = _json(sc, store.executionMetrics(e["executionId"]))
                total += sum(_metric_ms(values.get(str(a))) for a in acc)
                seen |= acc
        if all((e.get("completionTime") or first_ms) < first_ms for e in execs):
            break
        hi = lo
    return total / 1e3
