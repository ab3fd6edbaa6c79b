"""One workload in one process: a Spark session and a closed loop of jobs.

``run.py`` starts this as a child process, so a JVM that dies (or a child
the kernel kills) costs failed jobs, not the benchmark. One client submits
one job at a time and waits for it. Every job ends in a small collect (the
per-polygon rollup, the kNN rows, the near-duplicate pairs), which forces
it and gives the output that is checked against the reference.

Progress goes to an append-only events file, one JSON line per event, so
the parent can still account for the jobs of a child that died. Untraced
jobs run the workload as one fused pipeline. Traced jobs materialize each
layer's output under its own span and job description, and the event log
is parsed after the session stops.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs as I  # noqa: E402


class Tracer:
    """Spans around calls into the engine's layers. Disabled, it adds
    nothing: spans are no-ops and layer outputs stay lazy."""

    def __init__(self, sc, enabled: bool):
        self.sc, self.enabled = sc, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._held: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None, "start": time.time()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobDescription(f"perfbench:{rec['id']}:{name}")
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self.spans[self._stack[-1]] if self._stack else None
            self.sc.setJobDescription(
                f"perfbench:{parent['id']}:{parent['name']}" if parent else None)

    def materialize(self, df):
        """Traced: compute and cache a layer's output inside its span."""
        if not self.enabled:
            return df
        df = df.persist()
        df.count()
        self._held.append(df)
        return df

    def release(self):
        for df in self._held:
            df.unpersist()
        self._held.clear()


class Workload:
    def __init__(self, spark, name: str, in_dir: str, work_dir: str):
        self.spark, self.name, self.in_dir, self.work_dir = spark, name, in_dir, work_dir
        ref_path = os.path.join(in_dir, "reference.json")
        self.ref = None
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                self.ref = json.load(f)
        self.n_jobs = 0
        import pyarrow.parquet as pq

        sub = os.path.join(in_dir, "images" if name == "image_dedup" else "points")
        # input rows from the parquet footers, as the engine's own kNN
        # query sizes its probe radius
        self.n_rows = sum(pq.ParquetFile(os.path.join(sub, f)).metadata.num_rows
                          for f in sorted(os.listdir(sub)))
        # rows the throughput metric counts: points, queries or images
        self.rows = -(-self.n_rows // I.KNN_QUERY_EVERY) if name == "knn_hotspot" else self.n_rows

    def run(self, tr: Tracer):
        self.n_jobs += 1
        with tr.span(self.name):
            return getattr(self, self.name)(tr)

    def check(self, got) -> str | None:
        """None when the output matches the reference, else why not. The
        ungated C1 reproduction runs without a reference."""
        return None if self.ref is None else getattr(self, "check_" + self.name)(got)

    # ------------------------------------------------------------ pip_tile
    def pip_tile(self, tr: Tracer):
        from pyspark.sql import functions as F

        from gis_scripts_spark.operators import pip_join, tile_assign

        pts = self.spark.read.parquet(os.path.join(self.in_dir, "points"))
        polys = self.spark.read.parquet(os.path.join(self.in_dir, "polys.parquet"))
        with tr.span("operators.assign_tiles"):
            tiles = tr.materialize(tile_assign.assign_tiles(
                pts, grid_z=I.GRID_Z, tile_z=I.TILE_Z, s2_level=I.S2_LEVEL, hex_res=I.HEX_RES))
        with tr.span("operators.pip_join"):
            joined = tr.materialize(pip_join.pip_join(tiles, polys, z=I.GRID_Z))
        with tr.span("operators.rollup"):
            rows = joined.groupBy("poly_id").agg(
                F.count(F.lit(1)), F.sum("tile_x"), F.sum("tile_y"), F.bit_xor("s2_cell"),
                F.bit_xor("hex_cell"), F.min("quadkey"), F.max("quadkey"),
            ).collect()
        return {r[0]: [int(v) if isinstance(v, int) else v for v in r[1:]] for r in rows}

    def check_pip_tile(self, got) -> str | None:
        want = self.ref["rollup"]
        if set(got) != set(want):
            return f"polygon set differs: {len(set(got) ^ set(want))} ids"
        bad = [k for k in want if list(got[k]) != want[k]]
        return f"{len(bad)} polygon rollups differ, e.g. {bad[0]}" if bad else None

    # ---------------------------------------------------------- knn_hotspot
    def knn_hotspot(self, tr: Tracer):
        from pyspark.sql import functions as F

        from gis_scripts_spark.operators import knn

        pts = self.spark.read.parquet(os.path.join(self.in_dir, "points"))
        qry = pts.filter(F.col("point_id") % I.KNN_QUERY_EVERY == 0).withColumnRenamed("point_id", "query_id")
        with tr.span("operators.knn_join"):
            out = knn.knn_join(
                pts, qry, k=I.KNN_K, z=6, point_id="point_id", query_id="query_id",
                metric="euclid2", exclude_self=True, n_points_hint=self.n_rows,
            )
            return [tuple(r) for r in out.select("query_id", "neighbor_id", "dist", "rank").collect()]

    def check_knn_hotspot(self, got) -> str | None:
        import numpy as np

        qid = self.ref["query_id"]
        if len(got) != len(qid) * I.KNN_K:
            return f"{len(got)} rows, expected {len(qid) * I.KNN_K}"
        got = sorted(got, key=lambda r: (r[0], r[3]))
        g_q = np.asarray([r[0] for r in got]).reshape(-1, I.KNN_K)[:, 0]
        g_n = np.asarray([r[1] for r in got]).reshape(-1, I.KNN_K)
        g_d = np.asarray([r[2] for r in got]).reshape(-1, I.KNN_K)
        if not np.array_equal(g_q, qid):
            return "query ids differ"
        bad = np.nonzero((g_n != np.asarray(self.ref["neighbor_id"])).any(axis=1))[0]
        if len(bad):
            return f"{len(bad)} queries have other neighbours, e.g. query {qid[bad[0]]}"
        if not np.allclose(g_d, np.asarray(self.ref["dist"]), rtol=1e-12, atol=0.0):
            return "distances differ"
        return None

    # ---------------------------------------------------------- image_dedup
    def image_dedup(self, tr: Tracer):
        from pyspark.sql import functions as F

        from gis_scripts_spark.index import cells
        from gis_scripts_spark.operators import multimodal, tile_assign
        from gis_scripts_spark.sources import snaptable

        table = os.path.join(self.work_dir, f"table{self.n_jobs}")
        imgs = self.spark.read.parquet(os.path.join(self.in_dir, "images"))
        with tr.span("operators.assign_tiles"):
            tiles = tile_assign.assign_tiles(
                imgs, grid_z=I.GRID_Z, tile_z=I.TILE_Z, s2_level=I.S2_LEVEL, hex_res=I.HEX_RES)
            tiles = tr.materialize(tiles.withColumn(
                "cell_prefix", cells.cell_prefix_col(F.col("cell"), I.GRID_Z, I.PREFIX_Z)))
        with tr.span("sources.write_snapshot"):
            rec = snaptable.write_snapshot(
                tiles, table, partition_by=["cell_prefix"], stats_cols=["s2_cell", "lat"])
        with tr.span("sources.read_snapshot"):
            kept = snaptable.read_snapshot(self.spark, table, where={"cell_prefix": I.prefix_range()})
            files_ratio = len(kept.inputFiles()) / max(1, len(rec["files"])) if tr.enabled else None
            kept = tr.materialize(kept)
        with tr.span("operators.phash_neardup_pairs"):
            pairs = multimodal.phash_neardup_pairs(kept, max_hamming=I.MAX_HAMMING).collect()
        return {"rows": rec["rows"], "pairs": sorted([a, b, int(h)] for a, b, h in pairs),
                "files_read_ratio": files_ratio, "table": table}

    def check_image_dedup(self, got) -> str | None:
        if got["rows"] != self.ref["rows"]:
            return f"snapshot holds {got['rows']} rows, expected {self.ref['rows']}"
        if got["pairs"] != self.ref["pairs"]:
            return f"{len(got['pairs'])} pairs, expected {len(self.ref['pairs'])} (or other pairs)"
        return None

    def cleanup(self, got) -> None:
        if isinstance(got, dict) and "table" in got:
            shutil.rmtree(got["table"], ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=I.WORKLOADS)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--events", required=True)
    a = ap.parse_args(argv)

    ev = open(a.events, "a")

    def log(**kw):
        ev.write(json.dumps(kw) + "\n")
        ev.flush()

    t0 = time.time()
    log(ev="start", t=t0, pid=os.getpid())
    from gis_scripts_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(a.work_dir, "eventlog")
    if a.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    t_s = time.time()
    spark = get_spark(cores=os.cpu_count(), extra_conf=conf)
    get_spark_s = time.time() - t_s
    spark.sparkContext.setLogLevel("ERROR")
    wl = Workload(spark, a.workload, a.inputs, a.work_dir)
    tr_off = Tracer(spark.sparkContext, False)

    def one(phase: str, tr: Tracer) -> bool:
        start = time.time()
        err, got = None, None
        try:
            got = wl.run(tr)
        except Exception as e:  # a failed job is a measurement, not a crash
            err = f"{type(e).__name__}: {str(e)[:300]}"
            traceback.print_exc()
        end = time.time()
        if err is None:
            err = wl.check(got)
        extra = {}
        if isinstance(got, dict) and got.get("files_read_ratio") is not None:
            extra["files_read_ratio"] = got["files_read_ratio"]
        tr.release()
        wl.cleanup(got)
        log(ev="job", phase=phase, start=start, end=end, ok=err is None, err=err, **extra)
        return err is None

    def jvm_alive() -> bool:
        try:
            return not spark.sparkContext._jsc.sc().isStopped()
        except Exception:
            return False

    one("warmup", tr_off)
    log(ev="setup", setup_s=time.time() - t0, get_spark_s=get_spark_s, rows=wl.rows)

    def loop(rounds: list[tuple[str, Tracer]], min_rounds: int) -> None:
        """Rounds of jobs back to back; another round starts only if it
        should end within --seconds, judged by the slowest round so far."""
        start, slowest, n = time.time(), 0.0, 0
        while n < min_rounds or time.time() - start + slowest <= a.seconds:
            n += 1
            t = time.time()
            for phase, tr in rounds:
                if not one(phase, tr) and not jvm_alive():
                    log(ev="jvm_dead", t=time.time())
                    return
            slowest = max(slowest, time.time() - t)

    log(ev="timed_start", t=time.time())
    if not a.trace:
        loop([("timed", tr_off)], 1)
    else:
        # an untraced job (the base of the tracing overhead) and a traced
        # one, with each layer under its own span, alternate so that both
        # see the JVM equally warm
        tr = Tracer(spark.sparkContext, True)
        loop([("untraced", tr_off), ("traced", tr)], 2)
    log(ev="timed_end", t=time.time())
    spark.stop()
    if a.trace:
        from perfbench import eventlog

        spans = tr.spans
        per_span = eventlog.attribute(eventlog.read_events(log_dir), spans)
        log(ev="trace", spans=spans, spark=[
            {"root": s["id"], **eventlog.summarize(
                per_span, [c["id"] for c in spans if c["id"] == s["id"] or c["parent"] == s["id"]],
                (s["start"], s["end"]))}
            for s in spans if s["parent"] is None
        ])
    log(ev="end", t=time.time())
    ev.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
