"""Seeded benchmark of the engine: pip_tile, knn_hotspot, image_dedup.

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Set-up builds the seeded inputs and the
reference outputs under .perfbench_scratch/ (cached per seed), then one
child process (worker.py) opens a Spark session on local[nproc], runs a
warm-up job and then a closed loop of jobs for --seconds. This process
samples the child's session (JVM and Python workers) from /proc for
peak RSS, and kills the session past an RSS cap (half of MemTotal) or its
deadline.

--trace 0 prints the end-to-end metrics; --trace 1 the per-layer ones
(spans, Spark event log, no-Spark kernel timings). The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. The full
record, with job-time quartiles, RSS trail, host stamp and input digest,
goes to .perfbench_scratch/records/ and to the line before it.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_DEADLINE_S = 150.0  # the whole run, teardown included, must end within 180 s
# a run that lost more CPU than this to the hypervisor is flagged as noisy
STEAL_FLAG_SHARE = 0.05

# (name, unit, better): the per-layer metrics --trace 1 prints, in the
# order of BENCHMARK.json. A metric a workload does not reach reads 0.
PER_LAYER_METRICS = (
    [("session.get_spark_s", "s", "lower")]
    + [(f"index.{k}_mpts_s", "Mpts/s", "higher") for k in ("cell", "tile", "s2", "hex7")]
    + [("geom.pip_mpts_s", "Mpts/s", "higher"), ("geom.cover_s", "s", "lower")]
    + [(f"operators.{k}_s", "s", "lower") for k in ("assign_tiles", "pip_join", "phash_neardup_pairs")]
    + [("sources.write_snapshot_s", "s", "lower"), ("sources.read_snapshot_s", "s", "lower"),
       ("sources.files_read_ratio", "share", "lower")]
    + [(f"raster.decode_ms.{f}", "ms", "lower") for f in ("png", "qnt", "jpeg", "jpegp", "gif", "bmp")]
    + [("raster.phash_ms", "ms", "lower")]
    + [(f"spark.{k}", "count", "lower") for k in ("jobs", "stages", "tasks")]
    + [(f"spark.{k}", "s", "lower") for k in ("executor_run_s", "executor_cpu_s", "gc_s")]
    + [(f"spark.{k}", "MB", "lower")
       for k in ("shuffle_read_mb", "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb")]
    + [("spark.python_worker_s", "s", "lower"), ("spark.python_sent_mb", "MB", "lower"),
       ("spark.driver_gap_s", "s", "lower"), ("spark.straggler_ratio", "ratio", "lower")]
    + [("trace.traced_job_s", "s", "lower"), ("trace.overhead_s", "s", "lower")]
)

PER_LAYER_SPANS = {
    "operators.assign_tiles_s": "operators.assign_tiles",
    "operators.pip_join_s": "operators.pip_join",
    "operators.knn_join_s": "operators.knn_join",
    "operators.phash_neardup_pairs_s": "operators.phash_neardup_pairs",
    "sources.write_snapshot_s": "sources.write_snapshot",
    "sources.read_snapshot_s": "sources.read_snapshot",
}


# ------------------------------------------------------------------ /proc
def session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes of session `sid`. The child starts its
    own session, and everything it spawns stays in it, orphans included:
    the JVM and pyspark.daemon's workers call setpgid, never setsid."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            if int(rest[3]) == sid and rest[0] != "Z":
                out.append(int(d))
        except (OSError, IndexError, ValueError):
            pass
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _kill(pids: list[int], sig: int) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass


class SessionWatch:
    """Samples the summed RSS of the session a child leads, and stops the
    whole session past an RSS cap or at teardown."""

    def __init__(self, sid: int, cap_mb: float, period: float = 0.1):
        self.sid, self.cap_mb, self.period = sid, cap_mb, period
        self.capped = False
        self.trail: list[tuple[float, float, float]] = []  # (time, all MB, JVM MB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            per = {p: _rss_mb(p) for p in session_members(self.sid)}
            rss = sum(per.values())
            self.trail.append((time.time(), rss, sum(mb for p, mb in per.items() if _comm(p) == "java")))
            # two of the last three samples over the cap: a process forked
            # in the session briefly shows its parent's whole RSS before it
            # execs, and one such sample must not end the run
            last = sorted(x[1] for x in self.trail[-3:])
            if len(last) > 1 and last[-2] > self.cap_mb and not self.capped:
                # the host is shared: end the run before the kernel's OOM
                # killer picks a victim
                self.capped = True
                _kill(list(per), signal.SIGKILL)
            self._stop.wait(self.period)

    def stop_all(self, grace: float = 5.0) -> None:
        """Stop sampling, then end every process of the session and wait."""
        self._stop.set()
        self._thread.join()
        for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 10.0)):
            _kill(session_members(self.sid), sig)
            end = time.time() + wait
            while session_members(self.sid) and time.time() < end:
                time.sleep(0.05)
        if session_members(self.sid):
            raise RuntimeError(f"processes {session_members(self.sid)} did not end")


# ------------------------------------------------------------------- host
def host_stamp() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        jiffies = [int(x) for x in f.readline().split()[1:]]
    # fixed work on one core: comparable across runs on one host only
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return {"nproc": os.cpu_count(), "mem_total_mb": mem_kb / 1024, "loadavg": load,
            "cpu_probe_s": time.perf_counter() - t, "cpu_jiffies": jiffies}


def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3 if xs else []
    q = statistics.quantiles(xs, n=4)
    return [q[0], statistics.median(xs), q[2]]


# ------------------------------------------------------------------- run
def run(workload: str, seed: int, seconds: float, trace: bool,
        points: int | None = None, rss_cap_mb: float | None = None) -> dict:
    """One run; `points` and `rss_cap_mb` serve only the ungated C1
    reproduction (c1_repro.py), which runs without a reference."""
    from perfbench import inputs

    t_begin = time.time()
    scratch = os.path.join(ROOT, ".perfbench_scratch")
    stamp_before = host_stamp()
    in_dir, digest, gen_s, ref_s = inputs.prepare(
        workload, seed, scratch, points=points, with_reference=points is None)
    kernel_metrics = {}
    if trace:
        from perfbench import kernels

        kernel_metrics = kernels.run(workload, in_dir)

    work = os.path.join(scratch, "runs", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    events_path = os.path.join(work, "events.jsonl")
    env = dict(os.environ)
    env.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # keep the JVM's temp files (native libs, perf data) in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--inputs", in_dir, "--work-dir", work, "--seconds", str(seconds),
           "--trace", str(int(trace)), "--events", events_path]
    with open(os.path.join(work, "child.log"), "w") as log:
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True)
        cap = rss_cap_mb or stamp_before["mem_total_mb"] / 2
        watch = SessionWatch(child.pid, cap)
        try:
            rc = child.wait(timeout=max(10.0, CHILD_DEADLINE_S - (time.time() - t_begin)))
        except subprocess.TimeoutExpired:
            rc = None
        watch.stop_all()
        if rc is None:
            child.wait()

    events = []
    if os.path.exists(events_path):
        with open(events_path) as f:
            events = [json.loads(line) for line in f if line.strip()]
    by = {}
    for e in events:
        by.setdefault(e["ev"], []).append(e)
    jobs = by.get("job", [])
    finished = "end" in by
    attempted = len(jobs) + (0 if finished else 1)  # a job was in flight
    failed = sum(not j["ok"] for j in jobs) + (0 if finished else 1)
    timed = [j["end"] - j["start"] for j in jobs if j["ok"] and j["phase"] in ("timed", "untraced")]
    # a 3-sample running median drops one-sample spikes: a process forked
    # in the session briefly shows its parent's whole RSS before it execs
    smooth = [(watch.trail[i][0], sorted(x[1] for x in watch.trail[i - 1:i + 2])[1])
              for i in range(1, len(watch.trail) - 1)]

    def peak(t_lo: float, t_hi: float) -> float:
        return max((mb for t, mb in smooth if t_lo <= t <= t_hi), default=0.0)

    # The gated peak is the first job's. Over the timed jobs the JVM keeps
    # growing its heap toward the 24g maximum at a pace GC timing sets: the
    # median per-job peak spread 20% between seeds, the first job's 4%.
    warm = [j for j in jobs if j["phase"] == "warmup"]
    if warm:
        first_peak = peak(warm[0]["start"], warm[0]["end"])
    else:  # the child died in its first job: the whole trail is that job
        first_peak = max((mb for _, mb in smooth), default=0.0)
    timed_peaks = [peak(j["start"], j["end"]) for j in jobs if j["phase"] in ("timed", "untraced")]
    t_lo = by["timed_start"][0]["t"] if "timed_start" in by else float("inf")
    t_hi = by["timed_end"][0]["t"] if "timed_end" in by else float("inf")
    setup = by.get("setup", [{}])[0]
    rows = setup.get("rows", 0)
    med = statistics.median(timed) if timed else None
    end_to_end = {
        "rows_per_s": {"value": rows / med if med else 0.0, "unit": "1/s"},
        "setup_s": {"value": setup.get("setup_s", 0.0), "unit": "s"},
        "peak_rss_mb": {"value": first_peak, "unit": "MB"},
        "ok_share": {"value": (attempted - failed) / attempted, "unit": "share"},
    }

    stamp_after = host_stamp()
    # share of CPU time over the run that the hypervisor gave to others
    steal = (stamp_after["cpu_jiffies"][7] - stamp_before["cpu_jiffies"][7]) / max(
        1, sum(stamp_after["cpu_jiffies"]) - sum(stamp_before["cpu_jiffies"]))
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "input_digest": digest, "gen_s": gen_s, "reference_s": ref_s,
        "host_before": stamp_before, "host_after": stamp_after,
        "cpu_steal_share": steal, "noisy": steal > STEAL_FLAG_SHARE,
        "child_exit": rc, "attempted": attempted, "failed": failed,
        "errors": [j["err"] for j in jobs if not j["ok"]] + ([] if finished else [
            f"child ended early (exit {rc}{', RSS cap %.0f MB' % cap if watch.capped else ''})"]),
        "rows": rows, "job_s": timed, "job_s_quartiles": quartiles(timed), "jobs_timed": len(timed),
        "peak_rss_timed_mb": peak(t_lo, t_hi), "peak_rss_first_mb": first_peak,
        "peak_rss_per_job_mb": timed_peaks, "t_begin": t_begin,
        "end_to_end": end_to_end,
        "rss_trail_mb": [(round(t - t_begin, 2), round(mb, 1), round(jvm, 1)) for t, mb, jvm in watch.trail],
    }
    if trace:
        record["per_layer"] = per_layer(by, kernel_metrics, setup, timed)
        record["spans"] = by.get("trace", [{}])[0].get("spans", [])
        record["spark_per_job"] = by.get("trace", [{}])[0].get("spark", [])
    return record


def per_layer(by: dict, kernel_metrics: dict, setup: dict, untraced: list[float]) -> dict:
    tr = by.get("trace", [{}])[0]
    spans = tr.get("spans", [])
    roots = [s for s in spans if s["parent"] is None]
    out = {"session.get_spark_s": setup.get("get_spark_s", 0.0)}
    for metric, name in PER_LAYER_SPANS.items():
        durs = [s["end"] - s["start"] for s in spans if s["name"] == name]
        out[metric] = statistics.median(durs) if durs else 0.0
    ratios = [j["files_read_ratio"] for j in by.get("job", []) if "files_read_ratio" in j]
    out["sources.files_read_ratio"] = statistics.median(ratios) if ratios else 0.0
    spark = tr.get("spark", [])
    for key in (spark[0] if spark else {}):
        if key != "root":
            out[key] = statistics.median(s[key] for s in spark)
    # wall-time attribution of a traced job: median time per span name;
    # the root's self time is what no layer span covers
    names = sorted({s["name"] for s in spans})
    out["span_s"] = {n: statistics.median([s["end"] - s["start"] for s in spans if s["name"] == n])
                     for n in names}
    self_s = [(r["end"] - r["start"]) - sum(c["end"] - c["start"] for c in spans if c["parent"] == r["id"])
              for r in roots]
    out["root_self_s"] = statistics.median(self_s) if self_s else 0.0
    traced = [s["end"] - s["start"] for s in roots]
    out["trace.traced_job_s"] = statistics.median(traced) if traced else 0.0
    out["trace.overhead_s"] = (out["trace.traced_job_s"] - statistics.median(untraced)
                               if traced and untraced else 0.0)
    out.update(kernel_metrics)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gis_scripts_spark", "__init__.py")):
        print(f"perfbench: no engine source at {ROOT}/gis_scripts_spark; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs

    if a.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    record = run(a.workload, a.seed, a.seconds, bool(a.trace))
    rec_dir = os.path.join(ROOT, ".perfbench_scratch", "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{a.workload}_seed{a.seed}_trace{a.trace}_{int(time.time())}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        metrics = {n: {"value": float(record["per_layer"].get(n, 0.0)), "unit": u}
                   for n, u, _ in PER_LAYER_METRICS}
    else:
        metrics = record["end_to_end"]
    print(json.dumps({k: v for k, v in record.items() if k != "rss_trail_mb"}))
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
