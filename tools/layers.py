"""Layer attribution for the bench.py leaves: where each leaf's time goes.

Usage:
  python tools/layers.py [leaf ...] [--sf DIR] [--out FILE] [--plans DIR]
  python tools/layers.py --diff OLD.json NEW.json

Runs the flagship and the 50 bench.py queries (or only the named leaves) in
one session on local[$SPARK_GRAFT_CPUS] (default: every core), the way
bench.py does: fixtures first, then per leaf a GC and cache drop, a warm
run, and one noop-forced run under the job tag ``layers:<i>:<leaf>``. The
timed path of bench.py is not touched; its leaves and settings are reused.

Per leaf the record holds, from Spark's own status store
(``gis_scripts_spark.taskmetrics``):
  jobs, stages, tasks           what ran (stages that ran at least one task)
  executor_run_s/_cpu_s, gc_s   summed over the tasks
  python_worker_s               the SQL metric `time to run Python workers`
  jvm_s                         executor_run_s - python_worker_s, or null
                                when the SQL metric exceeds the tasks' run
                                time (chained Python nodes in one stage each
                                count the nodes upstream of them)
  shuffle_read_mb/_write_mb, spill_mb
  wall_s                        the forced run, measured on the driver
  job_s, stage_s                union of the job / stage-attempt intervals
  driver_gap_s                  wall_s - job_s: planning, Py4J, collects
wall_s - stage_s - driver_gap_s is the time inside jobs with no task
running (scheduling, AQE re-planning); the record's ``reconcile`` field
gives its largest value over the leaves.

Writes BENCH/layers_<tag>.json, the tag being the sf directory's name;
a run of every leaf also records bench.py's host_calibration probe.
Leaves named on the command line also get their formatted plan written to
plans/<tag>/<leaf>.txt. ``--diff`` prints NEW minus OLD for every numeric
field of every leaf both records hold (null where either side is null).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench  # noqa: E402
from gis_scripts_spark import queries as Q  # noqa: E402
from gis_scripts_spark import taskmetrics  # noqa: E402
from gis_scripts_spark.session import get_spark  # noqa: E402

FLAGSHIP = "flagship_pip_tile"
_MB = 1024.0 * 1024.0


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


def leaf_record(spark, tag: str, t0: float, t1: float) -> dict:
    """The layer numbers of the jobs that ran under `tag` in [t0, t1]."""
    sc = spark.sparkContext
    jobs = taskmetrics.jobs(sc, tag)
    tasks = taskmetrics.tasks(sc, jobs)
    stages: dict[tuple, list] = {}
    for t in tasks:
        stages.setdefault((t["stage_id"], t["attempt"]), []).append(t)
    job_s = _union([(max(j["start"], t0), min(j["end"], t1)) for j in jobs])
    run_s = sum(t["run_s"] for t in tasks)
    py_s = taskmetrics.python_worker_s(spark, jobs)
    return {
        "wall_s": t1 - t0,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "executor_run_s": run_s,
        "executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "python_worker_s": py_s,
        "jvm_s": run_s - py_s if py_s <= run_s else None,
        "shuffle_read_mb": sum(t["shuffle_read_bytes"] for t in tasks) / _MB,
        "shuffle_write_mb": sum(t["shuffle_write_bytes"] for t in tasks) / _MB,
        "spill_mb": sum(t["spill_bytes"] for t in tasks) / _MB,
        "job_s": job_s,
        "stage_s": _union([(min(t["launch"] for t in ts), max(t["end"] for t in ts))
                           for ts in stages.values()]),
        "driver_gap_s": max(0.0, (t1 - t0) - job_s),
    }


def run(leaves: list[str], sf_dir: str, plans_dir: str | None) -> dict:
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    spark = get_spark("layers", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    for ensure in (Q.ensure_geoparquet_fixture, Q.ensure_geojson_fixture,
                   Q.ensure_worldview_zip_fixture, Q.ensure_phash_images_fixture,
                   Q.ensure_stream_events_fixture):
        ensure(spark, sf_dir)

    out = {}
    for i, leaf in enumerate(leaves):
        fn = bench.flagship_pipeline if leaf == FLAGSHIP else Q.QUERIES[leaf]
        gc.collect()
        spark.catalog.clearCache()
        bench.force(fn(spark, sf_dir))
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            qe = fn(spark, sf_dir)._jdf.queryExecution()
            plan = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
            with open(os.path.join(plans_dir, f"{leaf}.txt"), "w") as f:
                f.write(plan)
        with taskmetrics.label(spark.sparkContext, f"layers:{i}:{leaf}") as tag:
            t0 = time.time()
            bench.force(fn(spark, sf_dir))
            t1 = time.time()
        out[leaf] = leaf_record(spark, tag, t0, t1)
        print(leaf, json.dumps({k: v if v is None else round(v, 3)
                                for k, v in out[leaf].items()}), flush=True)
    idle = [(r["wall_s"] - r["stage_s"] - r["driver_gap_s"], r["wall_s"]) for r in out.values()]
    return {
        "sf_dir": sf_dir,
        "cores": cores,
        "leaves": out,
        "reconcile": {
            "max_inside_job_idle_s": max((i for i, _ in idle), default=0.0),
            "max_inside_job_idle_share": max((i / w for i, w in idle), default=0.0),
        },
    }


def _sub(a, b):
    return None if a is None or b is None else a - b


def diff(old: dict, new: dict) -> dict:
    return {
        leaf: {k: _sub(v, old["leaves"][leaf][k]) for k, v in rec.items() if k in old["leaves"][leaf]}
        for leaf, rec in new["leaves"].items()
        if leaf in old["leaves"]
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("leaves", nargs="*", help="leaves to run (default: all)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", help="record path (default: BENCH/layers_<tag>.json)")
    ap.add_argument("--plans", help="plan directory (default: plans/<tag>)")
    ap.add_argument("--diff", nargs=2, metavar=("OLD", "NEW"))
    args = ap.parse_args(argv)

    if args.diff:
        with open(args.diff[0]) as a, open(args.diff[1]) as b:
            print(json.dumps(diff(json.load(a), json.load(b)), indent=1))
        return 0

    tag = os.path.basename(args.sf.rstrip("/"))
    leaves = args.leaves or [FLAGSHIP, *bench.BENCH_QUERIES]
    plans = (args.plans or os.path.join(_REPO, "plans", tag)) if args.leaves else None
    record = run(leaves, args.sf, plans)
    if not args.leaves:
        record["host_calibration"] = bench.host_calibration()
    out = args.out or os.path.join(_REPO, "BENCH", f"layers_{tag}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print("wrote", out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
