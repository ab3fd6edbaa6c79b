"""Grid-partitioned kNN join with cell-ring expansion (SURVEY.md §2.3 J8).

The reference's nearest analogues are the 30-px IDW window
(``create_dem_tiles_from_array.py:235-240``) and 4-neighbor bilinear
interpolation (``local_match.py:396-426``); the north rule requires true
kNN. Algorithm (classic distributed exact kNN, cell-cogrouped):

  round r: the DISTINCT cells of unresolved queries are exploded to their
  Chebyshev disk(r) (``cells.disk_arr``; x wraps at the antimeridian for
  the spherical metric), candidate points arrive via a shuffle-hash
  equi-join on the probed cell, and each query cell is cogrouped with its
  candidates: one vectorized numpy top-k per cell (not per query). A query
  RESOLVES when it has >= k candidates AND its k-th distance is <= the
  provable minimum distance to any point outside the probed disk (the
  cell-border bound; for haversine the longitude route accounts for
  high-latitude shrinkage and collapses near the poles, falling back to
  full-grid coverage — exact, just more rounds). Unresolved queries re-run
  with doubled r; termination: the clamped disk eventually covers the grid.

Scale notes: probe explode is per distinct CELL (not per query), shuffle
payload is (id, lon, lat, cell) only, and AQE skew-join splits hot cells.
Distances: squared Euclidean degrees ("euclid2", bit-reproducible vs SQL
oracles) or haversine meters ("haversine").
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from gis_scripts_spark.cachescope import persist, scoped
from gis_scripts_spark.index import cells as cells_mod

EARTH_R = 6371000.0



def _haversine(qlon, qlat, plon, plat):
    la1, la2 = np.radians(qlat), np.radians(plat)
    dla = la2 - la1
    dlo = np.radians(plon - qlon)
    a = np.sin(dla / 2.0) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlo / 2.0) ** 2
    return 2.0 * EARTH_R * np.arcsin(np.sqrt(a))


@scoped
def knn_join(
    points_df: DataFrame,
    queries_df: DataFrame,
    k: int = 5,
    z: int = 6,
    point_id: str = "point_id",
    query_id: str = "query_id",
    lon: str = "lon",
    lat: str = "lat",
    metric: str = "euclid2",
    exclude_self: bool = False,
    max_rounds: int = 10,
    initial_r: int | None = None,
    n_points_hint: int | None = None,
    adaptive_radius: bool = True,
    telemetry: dict | None = None,
) -> DataFrame:
    """Exact kNN: for each query row, its k nearest points.

    Returns (query_id, neighbor_id, dist, rank) with rank 1..k ordered by
    (dist, neighbor_id) — the deterministic tie-break.

    `initial_r`: first probe radius. Default: density-sized so ~90% of
    queries resolve in round one (expected k-th-neighbor radius × 1.5 —
    each extra round costs two shuffles, so starting too small dominates
    wall-clock; starting too large only pads the candidate lists).

    `adaptive_radius` (euclid2 path): the GLOBAL density radius is exactly
    wrong on skewed data — a hot cluster at 64× the global density probes
    the same (2r+1)² ring but collects 64× the candidates per query (the
    r4→r5 material-size bench measured ~250M of ~300M candidate rows coming
    from a 10%-of-rows hot spot, saturating the sort's memory bandwidth into
    ANTI-scaling). With this flag each query whose own cell holds ≥ 4k
    points starts at its LOCAL density radius (clipped to [1, initial_r])
    via one ids-only groupBy(cell).count() + equi-join; sparse cells keep
    the global radius. Purely a work-sizing hint: the per-row resolve bound
    below uses the radius actually probed, so results are exact either way
    (an under-probed query just re-runs with doubled radius).

    `telemetry`: optional dict filled with {"initial_r", "rounds":
    [{"r", "n_resolved", "seconds"}]} — per-round resolved counts cost one
    extra count job per round (the r4 directive-#6 evidence hook; leave
    None in production).
    """
    spark = points_df.sparkSession
    cell_h = cells_mod.cell_size_deg(z)[1]
    grid_n = 1 << z
    wrap = metric == "haversine"
    # (A spread() of these scans was measured here in the optimization
    # round and REVERTED: with the premature-unpersist fix in place the
    # cache fills already parallelize through the first shuffle, and the
    # extra keyed exchanges cost ~0.4 s at 150k rows for no stage win.)
    pts = points_df.select(
        F.col(point_id).alias("_pid"),
        F.col(lon).cast("double").alias("_plon"),
        F.col(lat).cast("double").alias("_plat"),
    ).withColumn("_pcell", cells_mod.cell_col(F.col("_plon"), F.col("_plat"), z))

    qry = queries_df.select(
        F.col(query_id).alias("_qid"),
        F.col(lon).cast("double").alias("_qlon"),
        F.col(lat).cast("double").alias("_qlat"),
    ).withColumn("_qcell", cells_mod.cell_col(F.col("_qlon"), F.col("_qlat"), z))

    qid_type = qry.schema["_qid"].dataType
    pid_type = pts.schema["_pid"].dataType
    result_schema = StructType(
        [
            StructField("query_id", qid_type),
            StructField("neighbor_id", pid_type),
            StructField("dist", DoubleType()),
            StructField("rank", IntegerType()),
            StructField("_resolved", BooleanType()),
        ]
    )
    probe_schema = StructType(
        [StructField("_qcell", LongType(), False), StructField("_probe", LongType(), False)]
    )

    def make_probes(r: int):
        def gen(batches):
            for pdf in batches:
                arr = pdf["_qcell"].to_numpy(np.int64)
                idx, nb = cells_mod.disk_arr(arr, r, wrap_x=wrap)
                yield pd.DataFrame({"_qcell": arr[idx], "_probe": nb})

        return gen

    def make_topk(r: int):
        bound_deg = r * cell_h

        def topk(queries: pd.DataFrame, cand: pd.DataFrame) -> pd.DataFrame:
            nq = len(queries)
            if nq == 0:
                return pd.DataFrame({f.name: [] for f in result_schema.fields})
            covers_grid = r >= grid_n
            # candidates sorted by id once: stable argsort on distance then
            # yields the (dist, neighbor_id) tie-break for free
            cand = cand.sort_values("_pid", kind="mergesort")
            pid = cand["_pid"].to_numpy()
            plon = cand["_plon"].to_numpy(np.float64)
            plat = cand["_plat"].to_numpy(np.float64)
            qid = queries["_qid"].to_numpy()
            qlon = queries["_qlon"].to_numpy(np.float64)
            qlat = queries["_qlat"].to_numpy(np.float64)
            nc = len(pid)
            if nc == 0:
                if covers_grid:
                    return pd.DataFrame({f.name: [] for f in result_schema.fields})
                return pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": [None] * nq,
                        "dist": np.full(nq, np.nan),
                        "rank": np.zeros(nq, np.int32),
                        "_resolved": np.zeros(nq, bool),
                    }
                )
            # full (nq × nc) distance matrix — one vectorized kernel per
            # cell batch, no Python in the inner loop (disk-bounded nc)
            if metric == "haversine":
                d = _haversine(qlon[:, None], qlat[:, None], plon[None, :], plat[None, :])
                bound_lat = 2.0 * EARTH_R * np.sin(np.radians(bound_deg) / 2.0)
                lat_reach = np.minimum(90.0, np.abs(qlat) + (r + 1) * cell_h)
                bound_lon = 2.0 * EARTH_R * np.arcsin(
                    np.minimum(1.0, np.cos(np.radians(lat_reach)) * np.sin(np.radians(bound_deg)))
                )
                bound = np.minimum(bound_lat, bound_lon)  # per query row
            else:
                dx = plon[None, :] - qlon[:, None]
                dy = plat[None, :] - qlat[:, None]
                d = dx * dx + dy * dy
                bound = np.full(nq, bound_deg * bound_deg)
            if exclude_self:
                d[pid[None, :] == qid[:, None]] = np.inf
            m = min(k, nc)
            # stable argsort: pid-sorted columns give the (dist, neighbor_id)
            # tie-break; argpartition would scramble boundary ties
            order = np.argsort(d, axis=1, kind="stable")[:, :m]
            dsel = np.take_along_axis(d, order, axis=1)
            keep = np.isfinite(dsel)
            cnt = keep.sum(axis=1)
            kth = np.where(cnt > 0, dsel[np.arange(nq), np.maximum(cnt - 1, 0)], np.inf)
            resolved = ((cnt >= k) & (kth <= bound)) | covers_grid
            total = int(cnt.sum())
            ranks = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt) + 1
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(qid, cnt),
                    "neighbor_id": pid[order[keep]],
                    "dist": dsel[keep],
                    "rank": ranks.astype(np.int32),
                    "_resolved": np.repeat(resolved, cnt),
                }
            )
            empty = (cnt == 0) & ~covers_grid  # keep unresolved empties alive
            if empty.any():
                out = pd.concat(
                    [
                        out,
                        pd.DataFrame(
                            {
                                "query_id": qid[empty],
                                "neighbor_id": [None] * int(empty.sum()),
                                "dist": np.full(int(empty.sum()), np.nan),
                                "rank": np.zeros(int(empty.sum()), np.int32),
                                "_resolved": np.zeros(int(empty.sum()), bool),
                            }
                        ),
                    ],
                    ignore_index=True,
                )
            return out

        return topk

    pts = persist(pts)  # re-joined every round
    if initial_r is None:
        n_pts = n_points_hint if n_points_hint is not None else pts.count()
        density = max(n_pts, 1) / (360.0 * 180.0)  # rows per deg^2 (global)
        exp_kth_deg = float(np.sqrt(k / (np.pi * density)))
        initial_r = int(np.clip(np.ceil(1.5 * exp_kth_deg / cell_h), 1, grid_n))

    if telemetry is not None:
        telemetry["initial_r"] = int(initial_r)
        telemetry["rounds"] = []
    resolved_parts: list[DataFrame] = []
    unresolved = qry
    r = initial_r
    use_jvm = metric == "euclid2"
    if use_jvm:
        # per-query starting radius (see `adaptive_radius` docstring). The
        # count+join is ids-only; the join also pre-shuffles queries by
        # _qcell — the exact partitioning the candidate join needs anyway.
        rlit = F.lit(int(initial_r)).cast("long")
        if adaptive_radius and initial_r > 1:
            cw, ch = cells_mod.cell_size_deg(z)
            cnts = pts.groupBy(F.col("_pcell").alias("_qcell")).agg(
                F.count(F.lit(1)).alias("_cc")
            )
            dens = F.col("_cc").cast("double") / F.lit(cw * ch)
            r_formula = F.ceil(
                F.lit(1.5)
                * F.sqrt(F.lit(float(k)) / (F.lit(float(np.pi)) * dens))
                / F.lit(cell_h)
            ).cast("long")
            r_ad = F.when(
                F.col("_cc") >= F.lit(4 * k),
                F.greatest(F.lit(1).cast("long"), F.least(r_formula, rlit)),
            ).otherwise(rlit)
            unresolved = (
                unresolved.join(cnts, "_qcell", "left")
                .withColumn("_r", F.coalesce(r_ad, rlit))
                .drop("_cc")
            )
        else:
            unresolved = unresolved.withColumn("_r", rlit)
        # referenced by both the probe groupBy and the candidate join each
        # round — persist so the cnts-join lineage runs once
        unresolved = persist(unresolved)
    # max_rounds + 1 passes: if the doubling budget runs out before the
    # clamped disk covers the grid, the LAST pass forces r = grid_n so every
    # remaining query resolves (covers_grid) — no query ever silently drops
    # exact survivor-probe bound from the prior round's stats job — gates
    # broadcasting the retry probes (points table never re-shuffled for a
    # handful of stragglers)
    probe_cells_bound: int | None = None
    for round_i in range(max_rounds + 1):
        if round_i == max_rounds:
            r = grid_n
            if use_jvm:
                unresolved = unresolved.withColumn(
                    "_r", F.lit(int(grid_n)).cast("long")
                )
        if use_jvm:
            # ZERO-Python round (whole-stage codegen end-to-end): the probe
            # disk is an explode of two int sequences, the distance is pure
            # Column arithmetic (IEEE doubles — bit-identical to the numpy
            # kernel and the SQL oracle), and top-k is a window. The only
            # Python left in the euclid2 path is this loop driver.
            # The probe radius `_cr` is per CELL (max over the cell's
            # queries — a larger radius only pads candidates, never breaks
            # the bound), so dense cells explode a 3×3 disk while sparse
            # ones explode the full global-radius ring.
            qcells = unresolved.groupBy("_qcell").agg(F.max("_r").alias("_cr"))
            gx = cells_mod.cell_gx_col(F.col("_qcell"))
            gy = cells_mod.cell_gy_col(F.col("_qcell"))
            # anisotropic probe span: cells are cell_w wide × cell_h tall
            # (cell_w = 2·cell_h on this grid), and the resolve bound below
            # is min-dimension (_cr·cell_h) — so the x-span only needs
            # ceil(_cr·cell_h/cell_w) cells for the SAME provable bound
            # (nearest unprobed cell in x is ≥ (rx)·cell_w ≥ _cr·cell_h
            # away). Symmetric spans probed 81 cells where 45 suffice.
            cw = cells_mod.cell_size_deg(z)[0]
            rx = F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.col("_cr").cast("double") * F.lit(cell_h / cw)).cast("long"),
            )
            probes = (
                qcells.withColumn("_dx", F.explode(F.sequence(-rx, rx)))
                .withColumn(
                    "_dy", F.explode(F.sequence(-F.col("_cr"), F.col("_cr")))
                )
                .withColumn("_px", gx + F.col("_dx"))
                .withColumn("_py", gy + F.col("_dy"))
                .filter(
                    (F.col("_px") >= 0) & (F.col("_px") < grid_n)
                    & (F.col("_py") >= 0) & (F.col("_py") < grid_n)
                )
                .select(
                    "_qcell",
                    "_cr",
                    (
                        F.lit(z).cast("long") * F.lit(1 << 58).cast("long")
                        + F.col("_px") * F.lit(1 << 29).cast("long")
                        + F.col("_py")
                    ).alias("_probe"),
                )
            )
            # round 1 is the bulk join: shuffle-hash both sides. Later
            # rounds have a provably bounded probe count (n_undone cells ×
            # the disk size, known exactly from the previous round's count)
            # — broadcast the probes so the 10^? -row points table is NOT
            # re-shuffled just to serve a handful of retries (measured as a
            # ~3s/round fixed cost at material size).
            if probe_cells_bound is not None and probe_cells_bound <= 2_000_000:
                cand = F.broadcast(probes).join(
                    pts, probes["_probe"] == pts["_pcell"], "inner"
                ).select("_qcell", "_cr", "_pid", "_plon", "_plat")
            else:
                cand = probes.join(
                    pts.hint("shuffle_hash"), probes["_probe"] == pts["_pcell"], "inner"
                ).select("_qcell", "_cr", "_pid", "_plon", "_plat")
            joined = unresolved.drop("_r").join(cand, "_qcell")
            if exclude_self:
                joined = joined.filter(F.col("_pid") != F.col("_qid"))
            dx = F.col("_plon") - F.col("_qlon")
            dy = F.col("_plat") - F.col("_qlat")
            joined = joined.withColumn("dist", dx * dx + dy * dy)
            # BOUND PRE-FILTER (r5, the dominant-stage cut): a candidate
            # farther than the resolve bound can never appear in a RESOLVED
            # query's top-k (resolved means kth <= bound^2, so every top-k
            # dist is <= bound^2), and an unresolved query re-runs with a
            # larger radius anyway — so rows beyond the bound only ever
            # feed the rank sort to be discarded. Dropping them BEFORE the
            # window cuts the sort input by the probed-rect/inscribed-circle
            # ratio (~2.5x on the uniform ring, ~3x in hot cells) while the
            # resolved set and every emitted row stay provably identical.
            # Disabled at the covers-grid radius, where the true top-k may
            # legitimately exceed the bound (bound caps at grid_n*cell_h
            # but lon spans up to 360 deg).
            bound2_pre = (F.col("_cr").cast("double") * F.lit(cell_h)) * (
                F.col("_cr").cast("double") * F.lit(cell_h)
            )
            joined = joined.filter(
                (F.col("_cr") >= F.lit(int(grid_n))) | (F.col("dist") <= bound2_pre)
            )
            # partition the rank window by (_qcell, _qid): a query's
            # candidates all live in its single cell group, so the window
            # semantics are identical to partitionBy(_qid) — but the join's
            # existing hashpartitioning(_qcell) SATISFIES the clustered
            # distribution of the superset key, so the full-size candidate
            # frame gets a local sort instead of another Exchange (r5: the
            # all-candidates re-shuffle dominated material-size rounds)
            w_rank = Window.partitionBy("_qcell", "_qid").orderBy("dist", "_pid")
            ranked = joined.withColumn("rank", F.row_number().over(w_rank))
            top = ranked.filter(F.col("rank") <= k)
            # candidate-count + kth-distance stats over the TOP frame
            # (<= k rows/query), not over all candidates: n_top == k is
            # equivalent to n_cand >= k, and the k-th distance is the max
            # of the top list — the stats window input shrinks from the
            # full candidate join to k x |queries| rows. The resolve bound
            # uses the radius the query's CELL actually probed (`_cr`).
            w_small = Window.partitionBy("_qid")
            kth = F.max("dist").over(w_small)
            n_top = F.count(F.lit(1)).over(w_small)
            bound_col = F.col("_cr").cast("double") * F.lit(cell_h)
            resolved = (F.col("_cr") >= F.lit(int(grid_n))) | (
                (n_top >= k) & (kth <= bound_col * bound_col)
            )
            scored = persist(
                top.select(
                    F.col("_qid").alias("query_id"),
                    F.col("_pid").alias("neighbor_id"),
                    F.col("dist"),
                    F.col("rank").cast("int").alias("rank"),
                    resolved.alias("_resolved"),
                )
            )
        else:
            qcells = unresolved.select("_qcell").distinct()
            probes = qcells.mapInPandas(make_probes(r), probe_schema)
            cand = probes.join(
                pts.hint("shuffle_hash"), probes["_probe"] == pts["_pcell"], "inner"
            ).select("_qcell", "_pid", "_plon", "_plat")
            # persist: scored is consumed twice per round and by the final
            # union (per-round localCheckpoint measured 8x slower — it
            # defeats AQE and re-materializes).
            scored = persist(
                unresolved.groupBy("_qcell")
                .cogroup(cand.groupBy("_qcell"))
                .applyInPandas(make_topk(r), result_schema)
            )
        done = scored.filter(F.col("_resolved") & F.col("neighbor_id").isNotNull()).drop("_resolved")
        resolved_parts.append(done)
        import time as _time

        _t0 = _time.perf_counter()
        if use_jvm:
            # queries with zero candidates never appear in `scored` — the
            # anti-join keeps them in play (ADVICE: nothing silently drops)
            done_q = scored.filter(F.col("_resolved")).select(
                F.col("query_id").alias("_qid")
            ).distinct()
            # Survivors re-run with DOUBLED radius. (A "certain" retry —
            # jumping straight to a radius derived from the k-th distance
            # the survivor OBSERVED — was built and measured here in r5,
            # but the bound pre-filter above supersedes it: post-filter, a
            # survivor can never have seen >= k candidates, so the observed
            # kth no longer exists. The pre-filter's 2.5x cut of the
            # dominant sort stage beats the one retry round the certainty
            # saved; retry rounds ride the broadcast-probe path below.)
            # no broadcast hint: done_q is ~all queries in round 1 (too big
            # to broadcast at scale); AQE picks the strategy. The surviving
            # frame is PERSISTED and all closing scalars read off ONE job:
            # without the persist, every later-round reference (qcells, the
            # candidate join, the next anti-join) re-executes the whole
            # chain of prior anti-joins — measured as a ~6s FIXED cost per
            # round even with 4 surviving queries (r5 material-size bench).
            glong = F.lit(int(grid_n)).cast("long")
            undone = persist(unresolved.join(done_q, "_qid", "left_anti"))
            cw = cells_mod.cell_size_deg(z)[0]
            r_dbl = F.least(F.col("_r") * 2, glong)
            rx_dbl = F.greatest(
                F.lit(1).cast("long"),
                F.ceil(r_dbl.cast("double") * F.lit(cell_h / cw)).cast("long"),
            )
            # ONE stats job sizes BOTH retry policies: the doubled radius
            # (per-query probe-cell bound, as before) and a direct jump to
            # the covers-grid radius (per-CELL bound — the probe explode is
            # per distinct cell and edge-clipping caps it at grid_n^2).
            stats = undone.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((2 * r_dbl + 1) * (2 * rx_dbl + 1)).alias("probe_cells"),
                F.countDistinct("_qcell").alias("n_cells"),
            ).first()
            n_undone = int(stats["n"])
            if telemetry is not None:
                telemetry["rounds"].append(
                    {
                        "r": int(r),
                        "n_unresolved_after": int(n_undone),
                        "seconds": round(_time.perf_counter() - _t0, 3),
                    }
                )
            if n_undone == 0:
                break
            # Collapse the retry tail (r5 verdict: round 1 resolves ~99.65%
            # at material size, then TWO more doubling rounds + their stats
            # jobs served a straggler sliver): when the full covers-grid
            # probe set for every surviving cell fits the broadcast gate,
            # jump the survivors straight to r = grid_n — one final
            # broadcast-probe round resolves everything (covers_grid), no
            # intermediate radii, no extra stats jobs. Exactness is radius-
            # schedule-independent (the resolve bound uses the radius
            # actually probed); at larger survivor counts the doubling
            # schedule is kept so the points table is never flooded.
            grid_probe_bound = int(stats["n_cells"]) * grid_n * grid_n
            if grid_probe_bound <= 2_000_000:
                unresolved = undone.withColumn(
                    "_r", F.lit(int(grid_n)).cast("long")
                )
                probe_cells_bound = grid_probe_bound
                r = grid_n
                continue
            unresolved = undone.withColumn("_r", r_dbl)
            probe_cells_bound = int(stats["probe_cells"])
        else:
            undone_ids = (
                scored.filter(~F.col("_resolved")).select(F.col("query_id").alias("_qid")).distinct()
            )
            if telemetry is not None:
                telemetry["rounds"].append({"r": int(r)})
            if undone_ids.isEmpty():
                break
            unresolved = unresolved.join(F.broadcast(undone_ids), "_qid", "left_semi")
        r *= 2
        if r > grid_n:
            r = grid_n  # clamped disk covers the grid from any position

    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    return out
